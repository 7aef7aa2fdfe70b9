"""Similarity search over the `embeddings` table (array<float>, dim
64) — brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH bucketed variant as the scale path
(BASELINE.json training-data-pipeline mandate).

Scale design: brute-force is one broadcast (the query vector) + a
scan-local score + TakeOrdered — fine for one query over any corpus
size, linear cost. For many-query / all-pairs workloads the LSH
variant buckets vectors by hyperplane sign bits so only in-bucket
candidates are scored: the all-pairs O(n²) never materializes.
Dot products run through higher-order array functions (zip_with +
aggregate) entirely JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

DIM = 64
QUERY_VEC_ID = 0
TOP_K = 10

#: cosine(a, b) with double accumulation, expressed with HOFs.
_COS_EXPR = """
    aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
              0D, (acc, v) -> acc + v)
    / (sqrt(aggregate(a, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))
       * sqrt(aggregate(b, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double))))
"""


def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vec_id=0 (self excluded).

    The 1-row query side is a broadcast nested-loop join (the right
    plan: no shuffle of the corpus); scoring is scan-local; the top-k
    is a TakeOrdered, not a global sort.
    """
    cat = Catalog(spark, sf_dir)
    query = (cat.embeddings.filter(F.col("vec_id") == QUERY_VEC_ID)
             .select(F.col("embedding").alias("b")))
    return (
        cat.embeddings.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumnRenamed("embedding", "a")
        .join(F.broadcast(query))
        .select(
            "vec_id", "label",
            fround(F.expr(_COS_EXPR), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


_DUCK_COS = f"""
    list_sum(list_transform(range(1, {DIM} + 1),
        i -> (e.embedding::DOUBLE[])[i] * q.b[i]))
    / (sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))
       * sqrt(list_sum(list_transform(q.b, x -> x * x))))"""

KNN_BRUTE_SQL = f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS b FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
    SELECT e.vec_id, e.label,
           {sql_fround(_DUCK_COS, 6)} AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
"""


def centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm + member count — the vector-aggregate
    shape (mean pooling) used for IVF coarse quantization. Element-
    wise mean via posexplode + group, fully built-in."""
    cat = Catalog(spark, sf_dir)
    # scaled-integer sums: FP addition is order-dependent and Spark's
    # partial-agg order is nondeterministic (functions.compat policy)
    comps = (
        cat.embeddings
        .select("label", F.posexplode("embedding").alias("pos", "comp"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.floor(F.col("comp").cast("double") * F.lit(1e9)
                           + F.lit(0.5)).cast("long")).cast("double")
             / (F.lit(1e9) * F.count("comp"))).alias("mean_comp"),
        )
    )
    return (
        comps.groupBy("label")
        .agg(
            fround(
                F.sqrt(
                    F.sum(F.floor(F.col("mean_comp") * F.col("mean_comp")
                                  * F.lit(1e12) + F.lit(0.5)).cast("long"))
                    .cast("double") / F.lit(1e12)
                ), 6,
            ).alias("centroid_norm"),
        )
        .join(
            cat.embeddings.groupBy("label").agg(F.count("*").alias("n_vectors")),
            "label",
        )
        .select("label", "centroid_norm", "n_vectors")
    )


CENTROID_SQL = f"""
WITH comps AS (
    SELECT label, u.pos,
           CAST(SUM(CAST(FLOOR(u.comp * 1000000000.0 + 0.5) AS BIGINT))
                AS DOUBLE) / (1000000000.0 * COUNT(u.comp)) AS mean_comp
    FROM embeddings,
         LATERAL (SELECT UNNEST(embedding::DOUBLE[]) AS comp,
                         generate_subscripts(embedding, 1) AS pos) u
    GROUP BY label, u.pos
),
norms AS (
    SELECT label,
           {sql_fround("sqrt(CAST(SUM(CAST(FLOOR(mean_comp * mean_comp * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000.0)", 6)}
               AS centroid_norm
    FROM comps GROUP BY label
)
SELECT n.label, n.centroid_norm, c.n_vectors
FROM norms n
JOIN (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label) c
  ON n.label = c.label
"""


#: ANN multi-table LSH: L tables of b sign-bits, OR-amplified.
#: With moderate-similarity neighbors (cos ≈ 0.5 in the driver data,
#: p_bit = 1 - θ/π ≈ 0.67) a true top-10 member shares some bucket
#: with probability 1 - (1 - 0.67⁵)¹² ≈ 0.82, while a random vector
#: (cos ≈ 0, p_bit = 0.5) is scored with probability ≈ 0.3 — i.e.
#: ~0.8 recall for ~⅓ of brute-force cost on this deliberately
#: cluster-free corpus. On real embedding corpora (neighbors at
#: cos ≥ 0.9) the same L·b gives ≳0.99 recall at a few % cost; the
#: two knobs tune to the similarity profile.
ANN_TABLES = 12
ANN_BITS = 5


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors of vec_id=0 via multi-table
    random-hyperplane LSH: a vector is a candidate if it shares ANY
    table's bucket with the query; only candidates are exact-scored.

    One vectorized projection assigns all L bucket ids per vector;
    the query's L buckets broadcast; the candidate set resolves as a
    semi-join. No SQL oracle (bucketing is engine-defined); unit
    tests assert recall against knn_brute_cosine.
    """
    cat = Catalog(spark, sf_dir)
    buckets_udf = _band_buckets_udf(ANN_TABLES, ANN_BITS, seed=99)
    bucketed = cat.embeddings.select(
        "vec_id",
        F.posexplode(buckets_udf(F.col("embedding"))).alias("band", "bucket"),
    )
    qbuckets = (bucketed.filter(F.col("vec_id") == QUERY_VEC_ID)
                .select("band", F.col("bucket").alias("qbucket")))
    candidates = (
        bucketed.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(qbuckets,
              (bucketed.band == qbuckets.band)
              & (F.col("bucket") == F.col("qbucket")))
        .select("vec_id")
        .distinct()
    )
    query = (cat.embeddings.filter(F.col("vec_id") == QUERY_VEC_ID)
             .select(F.col("embedding").alias("b")))
    return (
        cat.embeddings.join(candidates, "vec_id", "left_semi")
        .withColumnRenamed("embedding", "a")
        .join(F.broadcast(query))
        .select("vec_id", "label",
                fround(F.expr(_COS_EXPR), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


#: multi-probe: besides its own bucket, the query probes the buckets
#: reached by flipping its LOWEST-MARGIN sign bits (the bits most
#: likely to differ for a true neighbor — |v·plane| smallest). This
#: lifts per-band collision probability for near vectors much faster
#: than for random ones (a random vector's bits are uniformly wrong,
#: a neighbor's wrong bits concentrate at small margins), buying
#: recall at a sub-linear candidate-count cost — the standard
#: alternative to adding whole tables (public multi-probe LSH
#: literature, re-expressed as a probe-set expansion on the query
#: side only; the corpus-side bucketing pipeline is unchanged).
#: Measured at sf0.01 (fixed seeds): single-probe L=12 → recall 7/10
#: at 148 candidates; multi-probe L=10, probes=3 → recall 9/10 at 321
#: (fewer tables, +2 recall, 2.2× candidates). The 2.2× is an
#: artifact of the deliberately cluster-free test corpus (true
#: neighbors sit at cos ≈ 0.5, so margins barely concentrate); on
#: real embedding corpora (neighbors at cos ≥ 0.9) the flipped bits
#: are overwhelmingly the neighbor's actual disagreements and the
#: candidate growth is marginal.
ANN_PROBES = 3
ANN_MULTIPROBE_TABLES = 10


def _lcg_planes(n_planes: int, seed: int):
    """The (n_planes, DIM) ±1 hyperplane matrix both LSH bucketers
    project on, so a query's probe buckets name the corpus's buckets.
    Coordinates are drawn row by row from a 64-bit LCG seeded with
    ``seed`` (state ← state·6364136223846793005 + 1442695040888963407
    mod 2⁶⁴); each is +1 when the state's top bit is set, else −1."""
    import numpy as np

    state = seed
    coords = []
    for _ in range(n_planes * DIM):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        coords.append(1.0 if (state >> 63) else -1.0)
    return np.array(coords, dtype=np.float64).reshape(n_planes, DIM)


def _probe_buckets_udf(n_bands: int, bits: int, probes: int, seed: int = 42):
    """pandas_udf: embedding -> per-band ARRAY of probe bucket ids
    (own bucket + ``probes - 1`` single-bit flips in ascending
    |margin| order). Query-side only — one row per query vector."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    planes = _lcg_planes(n_bands * bits, seed)      # (n_planes, DIM)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(ArrayType(ArrayType(LongType())))
    def _probe(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        m = np.array(emb.tolist(), dtype=np.float64)  # (n, DIM)
        dots = m @ planes.T                           # (n, n_planes)
        signs = dots > 0
        out = []
        for r in range(m.shape[0]):
            bands_out = []
            for b in range(n_bands):
                seg = signs[r, b * bits:(b + 1) * bits].astype(np.int64)
                base = int(seg @ weights)
                margins = np.abs(dots[r, b * bits:(b + 1) * bits])
                flips = np.argsort(margins, kind="stable")[:probes - 1]
                bands_out.append([base] + [base ^ int(weights[j])
                                           for j in flips])
            out.append(bands_out)
        return pd.Series(out)

    return _probe


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors of vec_id=0 via multi-probe LSH:
    same bucketing pipeline as ann_lsh_cosine but with FEWER tables
    (ANN_MULTIPROBE_TABLES=10 vs 12 — multi-probe's index-size win),
    and the query's probe set per band is its own bucket plus its
    ANN_PROBES-1 smallest-margin bit flips. Rows-only check (bucketing is
    engine-defined); unit tests assert recall strictly improves over
    single-probe at bounded candidate growth."""
    cat = Catalog(spark, sf_dir)
    buckets_udf = _band_buckets_udf(ANN_MULTIPROBE_TABLES, ANN_BITS, seed=99)
    bucketed = cat.embeddings.select(
        "vec_id",
        F.posexplode(buckets_udf(F.col("embedding"))).alias("band", "bucket"),
    )
    probe_udf = _probe_buckets_udf(ANN_MULTIPROBE_TABLES, ANN_BITS,
                                   ANN_PROBES, seed=99)
    qbuckets = (
        cat.embeddings.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.posexplode(probe_udf(F.col("embedding")))
                .alias("band", "qbs"))
        .select("band", F.explode("qbs").alias("qbucket"))
    )
    candidates = (
        bucketed.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(qbuckets,
              (bucketed.band == qbuckets.band)
              & (F.col("bucket") == F.col("qbucket")))
        .select("vec_id")
        .distinct()
    )
    query = (cat.embeddings.filter(F.col("vec_id") == QUERY_VEC_ID)
             .select(F.col("embedding").alias("b")))
    return (
        cat.embeddings.join(candidates, "vec_id", "left_semi")
        .withColumnRenamed("embedding", "a")
        .join(F.broadcast(query))
        .select("vec_id", "label",
                fround(F.expr(_COS_EXPR), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def embedding_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate vectors: group by the full embedding array
    (array equality) — the embedding-level exact dedup pass."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.embeddings
        .groupBy("embedding")
        .agg(F.min("vec_id").alias("keeper_vec_id"),
             F.count("*").alias("n_copies"))
        .select("keeper_vec_id", "n_copies")
    )


EMBEDDING_DUP_SQL = """
SELECT MIN(vec_id) AS keeper_vec_id, COUNT(*) AS n_copies
FROM embeddings GROUP BY embedding
"""


register("knn_brute_cosine", knn_brute_cosine, KNN_BRUTE_SQL)
register("centroid_per_label", centroid_per_label, CENTROID_SQL)
register("ann_lsh_cosine", ann_lsh_cosine, None)
register("ann_lsh_multiprobe", ann_lsh_multiprobe, None)
register("embedding_dup_exact", embedding_dup_exact, EMBEDDING_DUP_SQL)


#: LSH blocking for the near-dup pair query: OR-amplified sign-LSH.
#: At the 0.99 cosine threshold a hyperplane agrees with probability
#: 1 - acos(0.99)/pi ~= 0.955, so an 8-bit band matches with
#: p = 0.955^8 ~= 0.69 and 12 independent bands miss a true pair with
#: probability (1-p)^12 < 1e-6. Verified exhaustively against the
#: all-pairs form in unit tests (planted near-dups) and at sf0.01.
#: These are the FLOOR parameters; _adaptive_lsh_params raises them
#: with corpus size (see its note — fixed bits make the candidate
#: set quadratic, the r11 derived-sf1.0 probe's second finding).
DEDUP_COS_THRESHOLD = 0.99
DEDUP_COS_BANDS = 12
DEDUP_COS_BITS = 8

#: expected vectors per (band, bucket) cell the adaptive policy aims
#: for — in-bucket pair generation is ~n·TARGET/2 per band at this
#: occupancy, i.e. LINEAR in the corpus.
DEDUP_COS_TARGET_BUCKET = 16


def _adaptive_lsh_params(n: int) -> tuple[int, int]:
    """(bands, bits) for an n-vector corpus — the standard LSH
    self-tuning dial (E2LSH-style parameter selection, public
    literature). With FIXED bits the expected candidate count is
    bands * C(n,2) / 2^bits — quadratic in the corpus; the r11
    derived-sf1.0 probe hit exactly that (a 20k-vector corpus
    generated ~9M candidates and OOM'd the old broadcast verify).
    Scaling bits ~ log2(n / TARGET_BUCKET) pins expected bucket
    occupancy, making candidates ~ bands * TARGET/2 * n (linear);
    bands then grows just enough to keep the true-pair miss
    probability at the documented 1e-6 (deeper buckets lower the
    per-band match rate p^bits, so bands = ln(1e6) / -ln(1-p^bits)).
    At every driver scale (n <= 2000) this returns exactly the
    (12, 8) floor, so all oracle/floor/planted tests see the
    identical plan; the parameters only move past n ~ 4096."""
    import math

    bits = max(DEDUP_COS_BITS,
               math.ceil(math.log2(max(n, 2) / DEDUP_COS_TARGET_BUCKET)))
    p_bit = 1.0 - math.acos(DEDUP_COS_THRESHOLD) / math.pi
    p_band = p_bit ** bits
    bands = max(DEDUP_COS_BANDS,
                math.ceil(math.log(1e6) / -math.log(1.0 - p_band)))
    return bands, bits
#: per-task bucket chunk size: a bucket with more members than this
#: is CHUNKED, not dropped (ADVICE r2) — its sorted member list is
#: sliced into ≤MAX_VEC_BUCKET chunks and pairs are generated per
#: chunk-pair, so each task emits at most MAX_VEC_BUCKET² pairs while
#: the union over chunk-pairs is EXACTLY the bucket's full pair set.
#: A giant near-dup cluster (which hashes identically in every band)
#: therefore still yields all its pairs — the quadratic OUTPUT is
#: inherent to the query's pair semantics and now arrives distributed
#: across tasks instead of vanishing or serializing on one.
MAX_VEC_BUCKET = 4096


def _band_buckets_udf(n_bands: int, bits: int, seed: int = 42):
    """pandas_udf: embedding -> array of per-band bucket ids.

    Hyperplanes are `_lcg_planes(n_bands·bits, seed)`; the whole batch
    is one (batch × DIM) @ (DIM × n_bands·bits) matmul + bit-packing —
    the justified-pandas_udf category (a 96-plane interpreted
    higher-order-function dot per row would be ~100× slower).
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    planes = _lcg_planes(n_bands * bits, seed)      # (n_planes, DIM)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        m = np.array(emb.tolist(), dtype=np.float64)  # (n, DIM)
        signs = (m @ planes.T) > 0                    # (n, n_planes)
        out = [
            signs[:, b * bits:(b + 1) * bits].astype(np.int64) @ weights
            for b in range(n_bands)
        ]
        packed = np.stack(out, axis=1)                # (n, n_bands)
        return pd.Series(list(packed))

    return _buckets


def dedup_embedding_cosine_allpairs(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Exact all-pairs ground truth for the near-dup pair semantics —
    O(n²) nested-loop by construction. NOT registered as a driver
    query: it exists as the unit-test oracle the blocked form is
    checked against (tests/test_llm_ops.py)."""
    cat = Catalog(spark, sf_dir)
    vecs = cat.embeddings.select("vec_id", "embedding")
    a = vecs.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("a"))
    b = vecs.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", fround(F.expr(_COS_EXPR), 6))
        .filter(F.coalesce(F.col("cos_sim") >= DEDUP_COS_THRESHOLD,
                           F.lit(False)))
        .select("vec_a", "vec_b", "cos_sim")
    )


def cosine_pair_dedup(vecs: DataFrame,
                      chunk: int = MAX_VEC_BUCKET) -> DataFrame:
    """LSH-blocked cosine near-dup pairs over a (vec_id, embedding)
    frame — the shared pipeline behind dedup_embedding_cosine and the
    planted-corpus variant.

    Plan shape (the 100 TB path — no all-pairs nested loop anywhere):
    1. one numpy-vectorized projection assigns every vector 12
       8-bit sign-LSH bucket ids (OR-amplification: < 1e-6 chance a
       ≥ 0.99 pair shares no bucket — see DEDUP_COS_BANDS note);
    2. groupBy (band, bucket) collects the sorted in-bucket vec_id
       list, slices it into ≤``chunk``-sized chunks, and generates
       pairs per chunk-pair: same-chunk → triangular, cross-chunk →
       full cross (ids in earlier chunks are strictly smaller, so
       vec_a < vec_b by construction). The chunk self-join is an
       equi-join on (band, bucket) over the already-aggregated bucket
       table — for ordinary buckets it degenerates to one
       (chunk 0, chunk 0) triangular row, while a pathological bucket
       fans out across tasks instead of serializing on one or being
       dropped;
    3. the candidate set broadcasts back against the vectors twice
       and only candidates get exact-cosine verified.
    Cost is Σ bucket², and the ADAPTIVE (bands, bits) policy
    (_adaptive_lsh_params — one bounded count() action) pins expected
    bucket occupancy so that sum stays LINEAR in the corpus; the
    corpus shuffles bucket ids (longs), never vector pairs. Equality
    with the all-pairs ground truth is unit-tested on planted
    near-dup corpora, including with a tiny chunk size forcing the
    multi-chunk path.
    """
    # the adaptive dial needs the corpus size, which costs one
    # bounded action
    bands_n, bits_n = _adaptive_lsh_params(vecs.count())
    buckets_udf = _band_buckets_udf(bands_n, bits_n)
    bands = vecs.select(
        "vec_id",
        F.posexplode(buckets_udf(F.col("embedding"))).alias("band", "bucket"),
    )
    return _verify_pairs(vecs, _chunked_bucket_pairs(bands, chunk),
                         DEDUP_COS_THRESHOLD)


def _chunked_bucket_pairs(bands: DataFrame, chunk: int) -> DataFrame:
    """(vec_id, band, bucket) → distinct candidate (vec_a < vec_b)
    pairs, generating each bucket's full pair set in ≤chunk²-sized
    per-task slices (the blocking-agnostic half of cosine_pair_dedup —
    also reused by semantic_dedup with k-means cells as buckets)."""
    chunks = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("vs"))
        .filter(F.size("vs") > 1)
        .select(
            "band", "bucket",
            F.posexplode(F.expr(
                f"transform(sequence(0, int(ceil(size(vs) / {chunk}.0)) - 1),"
                f" c -> slice(vs, c * {chunk} + 1, {chunk}))"
            )).alias("chunk", "cs"),
        )
    )
    ca = chunks.select("band", "bucket", F.col("chunk").alias("chunk_a"),
                       F.col("cs").alias("cs_a"))
    cb = chunks.select("band", "bucket", F.col("chunk").alias("chunk_b"),
                       F.col("cs").alias("cs_b"))
    candidates = (
        ca.join(cb, ["band", "bucket"])
        .filter(F.col("chunk_a") <= F.col("chunk_b"))
        .select(F.explode(F.expr(
            "CASE WHEN chunk_a = chunk_b THEN "
            "flatten(transform(cs_a, (x, i) -> "
            "transform(slice(cs_a, i + 2, size(cs_a) - i - 1), "
            "y -> struct(x AS vec_a, y AS vec_b)))) "
            "ELSE flatten(transform(cs_a, x -> "
            "transform(cs_b, y -> struct(x AS vec_a, y AS vec_b)))) END"
        )).alias("p"))
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )
    return candidates


def _verify_pairs(vecs: DataFrame, candidates: DataFrame,
                  threshold: float) -> DataFrame:
    """Exact-cosine verification of a candidate pair set. The
    candidate set is CORPUS-DERIVED (it grows with the data), so it
    must never broadcast — the r11 derived-sf1.0 probe OOM'd the old
    double-broadcast build at a 20k-vector corpus. Both verify joins
    pin SHUFFLE_HASH (the triangle closing-join doctrine): candidates
    hash-exchange by the probe key — linear in candidate count, never
    sorted — and the embeddings stream against each partition's hash
    map."""
    emb_a = vecs.select(F.col("vec_id").alias("vec_a"),
                        F.col("embedding").alias("a"))
    emb_b = vecs.select(F.col("vec_id").alias("vec_b"),
                        F.col("embedding").alias("b"))
    cand_a = emb_a.join(candidates.hint("shuffle_hash"), "vec_a")
    return (
        emb_b.join(cand_a.hint("shuffle_hash"), "vec_b")
        .withColumn("cos_sim", fround(F.expr(_COS_EXPR), 6))
        .filter(F.coalesce(F.col("cos_sim") >= threshold, F.lit(False)))
        .select("vec_a", "vec_b", "cos_sim")
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with
    cosine ≥ 0.99, LSH-blocked (see cosine_pair_dedup for the plan).
    Oracle: the exact all-pairs SQL (blocking is recall-lossless at
    the threshold, < 1e-6 miss probability per pair)."""
    cat = Catalog(spark, sf_dir)
    return cosine_pair_dedup(cat.embeddings.select("vec_id", "embedding"))


_DUCK_COS_AB = f"""
    list_sum(list_transform(range(1, {DIM} + 1),
        i -> (a.embedding::DOUBLE[])[i] * (b.embedding::DOUBLE[])[i]))
    / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
       * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x))))"""

DEDUP_EMBEDDING_COSINE_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_fround(_DUCK_COS_AB, 6)} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {sql_fround(_DUCK_COS_AB, 6)} >= 0.99
"""

register("dedup_embedding_cosine", dedup_embedding_cosine,
         DEDUP_EMBEDDING_COSINE_SQL)


#: planted-corpus variant: the driver testdata contains no cosine
#: near-dups, so dedup_embedding_cosine's driver row is a vacuous
#: 0 = 0 match (VERDICT r2). This query plants near-dups
#: DETERMINISTICALLY INSIDE the query — scaled copies (×1.5, cosine
#: exactly 1.0) of the first PLANTED_COPY_N vectors, unioned with a
#: PLANTED_BASE_N-vector base slice — and runs the SAME LSH-blocked
#: pipeline over the union, so the driver's hash comparison exercises
#: the blocking path with a non-empty result. The scale runs float
#: math identically on both engines: 1.5·x is exact in double for any
#: float x, and the round-to-float of that product IS the float
#: multiply, so Spark's cast(float) and DuckDB's CAST(AS REAL) agree
#: bit-for-bit.
PLANTED_BASE_N = 200
PLANTED_COPY_N = 20
PLANTED_ID_OFFSET = 1_000_000
PLANTED_SCALE = "1.5"


def _planted_corpus(cat: Catalog) -> DataFrame:
    """Base slice ∪ exact-direction scaled copies (cos = 1.0) — the
    deterministic near-dup-bearing corpus shared by the planted LSH
    dedup and semantic_dedup."""
    base = (cat.embeddings.filter(F.col("vec_id") < PLANTED_BASE_N)
            .select("vec_id", "embedding"))
    copies = (
        cat.embeddings.filter(F.col("vec_id") < PLANTED_COPY_N)
        .select(
            (F.col("vec_id") + F.lit(PLANTED_ID_OFFSET)).alias("vec_id"),
            F.expr(
                f"transform(embedding, x -> "
                f"cast(cast(x as double) * {PLANTED_SCALE} as float))"
            ).alias("embedding"),
        )
    )
    return base.unionByName(copies)


def dedup_embedding_cosine_planted(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The LSH-blocked pipeline over the planted corpus — a driver row
    with >0 result rows for the blocking path (the natural testdata
    has no cosine near-dups, making dedup_embedding_cosine's own row a
    vacuous 0 = 0 match)."""
    return cosine_pair_dedup(_planted_corpus(Catalog(spark, sf_dir)))


DEDUP_EMBEDDING_COSINE_PLANTED_SQL = f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < {PLANTED_BASE_N}
),
planted AS (
    SELECT vec_id + {PLANTED_ID_OFFSET} AS vec_id,
           list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * {PLANTED_SCALE} AS REAL))
               AS embedding
    FROM embeddings WHERE vec_id < {PLANTED_COPY_N}
),
corpus AS (
    SELECT * FROM base UNION ALL SELECT * FROM planted
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_fround(_DUCK_COS_AB, 6)} AS cos_sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE {sql_fround(_DUCK_COS_AB, 6)} >= 0.99
"""

register("dedup_embedding_cosine_planted", dedup_embedding_cosine_planted,
         DEDUP_EMBEDDING_COSINE_PLANTED_SQL)


def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors: KMeans
    coarse quantizer (k=16, fixed seed) partitions the corpus into
    cells; the query probes its nprobe=8 nearest cells and exact-
    scores only those vectors.

    The Spark-ML KMeans fit is the one iterative/ML component in the
    engine — at 100 TB it trains on a sample and the cell assignment
    is a broadcast-centroid map stage; search cost drops by
    ~k/nprobe. Rows-only check (centroids are model-dependent);
    recall vs knn_brute_cosine asserted in unit tests.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nprobe = 8
    cat = Catalog(spark, sf_dir)
    vecs = cat.embeddings.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>")))
    try:
        model = KMeans(k=16, seed=42, featuresCol="features").fit(vecs)
    except Exception:
        # the MLlib fit throws on an empty dataset; keep the happy
        # path action-free and only pay the emptiness check in the
        # error path (round-9 empty-input sweep)
        if vecs.isEmpty():
            return spark.createDataFrame(
                [], "vec_id long, label int, cos_sim double")
        raise
    assigned = model.transform(vecs).withColumnRenamed("prediction", "cell")

    # query vector + its nprobe nearest centroids
    centroids = [(i, [float(x) for x in c])
                 for i, c in enumerate(model.clusterCenters())]
    cent_df = spark.createDataFrame(centroids, "cell int, centroid array<double>")
    query = (assigned.filter(F.col("vec_id") == QUERY_VEC_ID)
             .select(F.col("embedding").alias("qe")))
    probe_cells = (
        cent_df.join(F.broadcast(query))
        .withColumn("dist", F.expr(
            "aggregate(zip_with(centroid, qe, (c, q) -> "
            "(c - cast(q as double)) * (c - cast(q as double))), "
            "0D, (acc, v) -> acc + v)"))
        .orderBy("dist").limit(nprobe).select("cell")
    )

    candidates = assigned.join(probe_cells, "cell").filter(
        F.col("vec_id") != QUERY_VEC_ID)
    return (
        candidates
        .withColumnRenamed("embedding", "a")
        .join(F.broadcast(query.select(F.col("qe").alias("b"))))
        .select("vec_id", "label", fround(F.expr(_COS_EXPR), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


register("ann_ivf_cosine", ann_ivf_cosine, None)


SEMDEDUP_K = 16

#: L2 unit-normalization as a pure SQL expression. greatest(norm,
#: tiny) guards the all-zero vector: without it a zero norm yields
#: NaN features and the KMeans fit throws. A zero vector has no
#: direction, so mapping it to the zero feature vector (its own
#: cell) is the honest semantics.
UNIT_NORM_EXPR = (
    "transform(embedding, x -> cast(x as double) / "
    "greatest(sqrt(aggregate(embedding, 0D, "
    "(acc, v) -> acc + cast(v as double) * cast(v as double))), "
    "1e-30D))")


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (public methodology:
    cluster the corpus, exact-score only within clusters, drop
    high-cosine pairs): k-means cells over L2-NORMALIZED embeddings
    are the blocking structure; within-cell pair generation reuses the
    chunked machinery (`_chunked_bucket_pairs` with cell as the
    bucket), and exact cosine verifies candidates.

    Normalization matters twice: cosine ignores magnitude, and
    clustering unnormalized vectors would split same-direction
    vectors of different norms across cells (Euclidean k-means).
    After normalization, exact-direction duplicates coincide in
    feature space and land in the same cell BY CONSTRUCTION — the
    planted-copy unit test relies on this. Boundary-straddling
    near-dups can still be missed (inherent SemDeDup recall trade,
    documented in its public description; the LSH-blocked
    dedup_embedding_cosine is the recall-lossless alternative).

    Runs over the planted corpus (the natural testdata has no cosine
    near-dups, so the query would be vacuously empty). Rows-only
    check: cell assignment is model-dependent. At 100 TB the KMeans
    fit runs on a sample and assignment is a broadcast-centroid map
    stage; Σ cell² within-cell cost is bounded by k sizing
    (cells ≈ n/k) plus the chunked per-task cap.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cat = Catalog(spark, sf_dir)
    corpus = _planted_corpus(cat)
    unit = corpus.withColumn(
        "features", array_to_vector(F.expr(UNIT_NORM_EXPR)))
    try:
        model = KMeans(k=SEMDEDUP_K, seed=42,
                       featuresCol="features").fit(unit)
    except Exception:
        if unit.isEmpty():     # see ann_ivf_cosine's guard
            return spark.createDataFrame(
                [], "vec_a long, vec_b long, cos_sim double")
        raise
    cells = (model.transform(unit)
             .select("vec_id", F.lit(0).alias("band"),
                     F.col("prediction").alias("bucket")))
    return (
        _verify_pairs(corpus, _chunked_bucket_pairs(cells, MAX_VEC_BUCKET),
                      DEDUP_COS_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


register("semantic_dedup", semantic_dedup, None)


N_BATCH_QUERIES = 5


def knn_batch_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact KNN: top-5 neighbors for EACH of the first
    N_BATCH_QUERIES vectors in one job — the batch-serving shape
    (one broadcast of the query set, one corpus scan, a per-query
    top-k window instead of N separate jobs)."""
    cat = Catalog(spark, sf_dir)
    queries = (cat.embeddings.filter(F.col("vec_id") < N_BATCH_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("b")))
    scored = (
        cat.embeddings
        .withColumnRenamed("embedding", "a")
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id",
                fround(F.expr(_COS_EXPR), 6).alias("cos_sim"))
    )
    from ..operators.windows import top_k_per_group
    return top_k_per_group(
        scored, ["query_id"], [F.col("cos_sim"), -F.col("vec_id")],
        k=5, rank_col="rank",
    ).select("query_id", "rank", "vec_id", "cos_sim")


KNN_BATCH_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS b
    FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}
),
scored AS (
    SELECT q.query_id, e.vec_id,
           {sql_fround(_DUCK_COS, 6)} AS cos_sim
    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
)
SELECT query_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 5
"""

register("knn_batch_cosine", knn_batch_cosine, KNN_BATCH_SQL)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of batch LSH-ANN against exact brute-force
    KNN — the evaluation loop every production ANN deployment runs
    before trusting an index (recall@k on a held-out query batch).

    Batch-LSH shape (vs the single-query ann_lsh_cosine): ALL query
    vectors bucket in the same corpus-wide pipeline, candidates
    resolve as ONE (band, bucket) join for the whole batch, and one
    exact-scoring pass + per-query top-k window finishes the job. At
    100 TB the bucket join is the scale path: the corpus side
    shuffles by (band, bucket) once regardless of batch size, where
    per-query broadcast probing would rescan per query.

    Rows-only by design (LSH bucketing is engine-defined); a unit
    test pins the recall floor and that recall ≤ 1 by construction.
    """
    cat = Catalog(spark, sf_dir)
    buckets_udf = _band_buckets_udf(ANN_TABLES, ANN_BITS, seed=99)
    bucketed = cat.embeddings.select(
        "vec_id",
        F.posexplode(buckets_udf(F.col("embedding"))).alias("band", "bucket"),
    )
    qb = (bucketed.filter(F.col("vec_id") < N_BATCH_QUERIES)
          .select(F.col("vec_id").alias("query_id"), "band",
                  F.col("bucket").alias("qbucket")))
    candidates = (
        bucketed.join(qb,
                      (bucketed.band == qb.band)
                      & (F.col("bucket") == F.col("qbucket"))
                      & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id")
        .distinct()
    )
    queries = (cat.embeddings.filter(F.col("vec_id") < N_BATCH_QUERIES)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("b")))
    scored = (
        candidates
        .join(cat.embeddings.withColumnRenamed("embedding", "a"), "vec_id")
        .join(queries, F.col("query_id") == F.col("qid"))
        .select("query_id", "vec_id",
                fround(F.expr(_COS_EXPR), 6).alias("cos_sim"))
    )
    from ..operators.windows import top_k_per_group
    lsh_topk = top_k_per_group(
        scored, ["query_id"], [F.col("cos_sim"), -F.col("vec_id")],
        k=5, rank_col="rank",
    ).select("query_id", "vec_id")
    true_topk = knn_batch_cosine(spark, sf_dir).select("query_id", "vec_id")
    found = (
        true_topk.join(lsh_topk, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id").agg(F.count("*").cast("long").alias("n_found"))
    )
    return (
        true_topk.groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_true"))
        .join(found, "query_id", "left")
        .select(
            "query_id", "n_true",
            F.coalesce("n_found", F.lit(0)).alias("n_found"),
            fround(F.coalesce("n_found", F.lit(0)) / F.col("n_true"), 6)
            .alias("recall"),
        )
        .orderBy("query_id")
    )


register("ann_recall_report", ann_recall_report, None)


#: floor for the driver-visible batch recall assertion. Measured
#: micro-recall@5 of the seeded LSH index: 0.64 (sf0.001), 0.56
#: (sf0.01), 0.68 (sf0.1) — 0.4 leaves ≥ 0.16 margin at every scale.
ANN_RECALL_FLOOR_PCT = 40


def ann_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ANN quality gate (VERDICT r5 #6): ONE row
    asserting the batch micro-recall@5 of the seeded LSH index meets
    the pinned floor. Everything upstream (hyperplanes seed=99,
    bucketing, candidate join) is deterministic given the data, so at
    any tested scale the row is the constant
    ``(k=5, n_queries=5, recall_ge_floor=true)`` — which is exactly
    the pinned-constant oracle. A recall regression (index bug, seed
    drift, bucketing change) flips the boolean and hash-mismatches.

    The compare is exact integer arithmetic (100*found >= floor_pct*
    true) — no FP boundary to flake on.
    """
    rep = ann_recall_report(spark, sf_dir)
    return (
        rep.agg(F.count("*").alias("nq"),
                F.sum("n_found").alias("f"), F.sum("n_true").alias("t"))
        .select(
            F.lit(5).cast("long").alias("k"),
            F.col("nq").cast("long").alias("n_queries"),
            (F.col("f") * 100 >= F.col("t") * ANN_RECALL_FLOOR_PCT)
            .alias("recall_ge_floor"),
        )
    )


ANN_RECALL_FLOOR_SQL = """
SELECT CAST(5 AS BIGINT) AS k,
       CAST(5 AS BIGINT) AS n_queries,
       TRUE AS recall_ge_floor
"""

register("ann_recall_floor", ann_recall_floor, ANN_RECALL_FLOOR_SQL)


#: anchors for contrastive-pair mining (first N vec_ids)
N_HN_ANCHORS = 20


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (round 7): for each anchor
    vector, the nearest SAME-label neighbor (positive) and the
    nearest DIFFERENT-label neighbor (hard negative), plus the
    pos−neg margin — the pair-construction step of contrastive /
    triplet training for retrieval models, and a per-anchor view of
    label-space separation (label_centroid_separation's aggregate
    complement).

    Plan: one broadcast of the bounded anchor set against one corpus
    scan (the knn_batch shape — no N separate jobs, no corpus
    self-join); both rank-1 picks (positive / negative) consume the
    scored frame via per-anchor top-1 windows
    over the anchors×corpus-bounded frame. Ties break on (cos_sim
    DESC, vec_id ASC) in both engines."""
    from ..operators.windows import top_k_per_group
    cat = Catalog(spark, sf_dir)
    queries = (cat.embeddings.filter(F.col("vec_id") < N_HN_ANCHORS)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("anchor_label"),
                       F.col("embedding").alias("b")))
    scored = (
        cat.embeddings
        .withColumnRenamed("embedding", "a")
        .join(F.broadcast(queries), F.col("vec_id") != F.col("anchor_id"))
        .select("anchor_id", "anchor_label", "vec_id", "label",
                fround(F.expr(_COS_EXPR), 6).alias("cos_sim")))
    pos = top_k_per_group(
        scored.filter(F.col("label") == F.col("anchor_label")),
        ["anchor_id"], [F.col("cos_sim"), -F.col("vec_id")],
        k=1, rank_col="rank",
    ).select("anchor_id", "anchor_label",
             F.col("vec_id").alias("pos_id"),
             F.col("cos_sim").alias("pos_sim"))
    neg = top_k_per_group(
        scored.filter(F.col("label") != F.col("anchor_label")),
        ["anchor_id"], [F.col("cos_sim"), -F.col("vec_id")],
        k=1, rank_col="rank",
    ).select("anchor_id",
             F.col("vec_id").alias("neg_id"),
             F.col("cos_sim").alias("neg_sim"))
    return (
        pos.join(neg, "anchor_id", "full_outer")
        .select(
            "anchor_id", "anchor_label", "pos_id", "pos_sim",
            "neg_id", "neg_sim",
            fround(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"))
    )


HARD_NEGATIVE_SQL = f"""
WITH q AS (
    SELECT vec_id AS anchor_id, label AS anchor_label,
           embedding::DOUBLE[] AS b
    FROM embeddings WHERE vec_id < {N_HN_ANCHORS}
),
scored AS (
    SELECT q.anchor_id, q.anchor_label, e.vec_id, e.label,
           {sql_fround(_DUCK_COS, 6)} AS cos_sim
    FROM embeddings e JOIN q ON e.vec_id <> q.anchor_id
),
pos AS (
    SELECT anchor_id, anchor_label, vec_id AS pos_id, cos_sim AS pos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
              ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored WHERE label = anchor_label)
    WHERE rnk = 1
),
neg AS (
    SELECT anchor_id, vec_id AS neg_id, cos_sim AS neg_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
              ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored WHERE label <> anchor_label)
    WHERE rnk = 1
)
SELECT anchor_id, anchor_label, pos_id, pos_sim, neg_id, neg_sim,
       {sql_fround('pos_sim - neg_sim', 6)} AS margin
FROM pos FULL OUTER JOIN neg USING (anchor_id)
"""

register("hard_negative_mining", hard_negative_mining, HARD_NEGATIVE_SQL)
