"""Deduplication operators over `documents` — exact, MinHash+LSH,
SimHash, and n-gram Jaccard (BASELINE.json training-data-pipeline
mandate).

Scale design:
- Exact dedup groups on a fingerprint digest, not the body: the
  shuffle carries 16-byte keys at any corpus size.
- MinHash+LSH is the canonical near-dup pipeline: shingle → K minhash
  values (xxhash64 with K seeds, all JVM-side) → band → bucket-join.
  The candidate join is on (band_id, band_hash) buckets, so the
  all-pairs O(n²) never materializes; only in-bucket pairs are
  verified with exact Jaccard.
- SimHash packs a document into one 64-bit signature; banding the
  signature into 16-bit keys finds hamming-close pairs with joins.
- All of it is DataFrame ops — no Python in the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: minhash configuration: NUM_HASHES = BANDS * ROWS_PER_BAND
NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = 4
SHINGLE_K = 5          # word-shingle width
JACCARD_THRESHOLD = 0.4
#: hot-bucket guard: an LSH bucket with more members than this is a
#: low-information collision (near-uniform band) — generating its
#: O(n²) pairs single-threaded costs more than the recall it adds;
#: production corpora drop or split such buckets
MAX_BUCKET = 128


def _with_shingles(df: DataFrame) -> DataFrame:
    """tokens → distinct SHINGLE_K-word shingles (positional word
    n-grams).

    Repartition first: the corpus often arrives as few large files,
    and shingling is per-row CPU work (higher-order functions are
    interpreted, not codegen'd) — spread it across all cores before
    paying it. The partition count is explicit: rows are few but
    CPU-heavy, and AQE would coalesce a byte-sized implicit shuffle
    back to one partition.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, "doc_id")
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        # filter on the CHEAP token count, not on size(shingles):
        # Catalyst pushes filters below the repartition, and a filter
        # containing the shingle expression would re-run the whole
        # (interpreted, expensive) shingling single-threaded at the scan
        .filter(F.size(F.col("tokens")) >= SHINGLE_K)
        .withColumn(
            "shingles",
            F.expr(
                "array_distinct(transform(sequence(0, size(tokens) - "
                f"{SHINGLE_K}),"
                f" i -> concat_ws(' ', slice(tokens, i + 1, {SHINGLE_K}))))"
            ),
        )
    )


def hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles long[], n_shingles): each distinct shingle
    hashed to int64 up front, so the (interpreted, expensive)
    shingle construction runs ONCE and what persists, shuffles and
    verifies is compact long arrays instead of word-5-gram strings.
    Jaccard over the hashes equals Jaccard over the strings modulo
    64-bit collisions (~n²/2⁶⁴ per doc — negligible; the DuckDB
    parity test pins agreement with the string-based oracle)."""
    return (_with_shingles(docs)
            .select(
                "doc_id",
                F.expr("transform(shingles, s -> xxhash64(s))")
                .alias("shingles"),
                F.size("shingles").alias("n_shingles")))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one keeper (min doc_id) per distinct normalized
    text; n_copies counts the duplicate cluster size."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents
        .withColumn(
            "fingerprint",
            F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))),
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"),
             F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


#: hot-shingle guard: a shingle appearing in more documents than this
#: is boilerplate (stop-phrase, template header) — its blocking join
#: fan-out is O(df²) pairs while its discriminative value is ~zero.
#: Capped shingles are dropped from candidate GENERATION only; the
#: exact-Jaccard verify still counts them, so any pair that also
#: shares a below-cap shingle gets the exact similarity. Observed max
#: df in driver testdata is 4 (sf0.1), so the cap is inert there; at
#: 100 TB it is the difference between Σ df² and n² blow-up.
SHINGLE_DF_CAP = 64


def _verify_jaccard(sh_all: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of a (small) candidate pair set.

    ``sh_all``: (doc_id, shingles, n_shingles); ``candidates``:
    (doc_a, doc_b). Broadcasts the candidate set so the shingle arrays
    stream map-side through two broadcast-hash joins instead of being
    serialized into a sort-merge shuffle. Returns doc_a, doc_b,
    n_shared_shingles, jaccard for pairs ≥ JACCARD_THRESHOLD.
    """
    cand_a = (
        sh_all.select(F.col("doc_id").alias("doc_a"),
                      F.col("shingles").alias("sh_a"),
                      F.col("n_shingles").alias("n_a"))
        .join(F.broadcast(candidates), "doc_a")
    )
    return (
        sh_all.select(F.col("doc_id").alias("doc_b"),
                      F.col("shingles").alias("sh_b"),
                      F.col("n_shingles").alias("n_b"))
        .join(F.broadcast(cand_a), "doc_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            fround(F.col("shared")
                   / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        # null-TOLERANT threshold (see dedup_minhash_lsh note): a
        # null-strict filter would let Catalyst push isnotnull
        # constraints with the whole shingle expression into the scans
        .filter(F.coalesce(F.col("jaccard") >= JACCARD_THRESHOLD,
                           F.lit(False)))
        .select("doc_a", "doc_b",
                F.col("shared").cast("long").alias("n_shared_shingles"),
                "jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame,
                        df_cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Document pairs sharing ≥1 below-cap word 5-gram, with exact
    Jaccard over ALL distinct shingles, thresholded.

    Plan: explode shingles → per-shingle document frequency → the
    (tiny) above-cap hot list broadcasts into a left-anti join →
    capped self-join generates candidate pairs → exact verify on the
    full shingle arrays. The self-join fan-out is bounded by
    Σ min(df, cap)² instead of the uncapped Σ df² — one ubiquitous
    boilerplate shingle can no longer produce an O(n²) candidate set.
    """
    # persist() of the pre-hashed shingles: caching the raw STRING
    # arrays measured a loss (10× serialization cost); these are
    # longs, and FIVE downstream branches reuse them (measured at
    # sf0.1: 4.5 s recompute → 2.6 s persisted). The persist is
    # TRACKED (cache.pin): per-run sessions let LRU/GC clean it,
    # long-lived hosts call cache.release_all() after each
    # materialized result.
    from ..cache import pin
    sh_all = pin(hashed_shingles(docs))
    return _verify_jaccard(sh_all, _ngram_candidates(sh_all, df_cap))


def _ngram_candidates(sh_all: DataFrame, df_cap: int) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs sharing ≥1 below-cap shingle."""
    sh = sh_all.select("doc_id", F.explode("shingles").alias("shingle"))
    # hot list: small by construction (boilerplate shingles are few;
    # at corpus scale this aggregation is the same shuffle the
    # blocking join pays anyway, and can come from a sampled pass)
    hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > df_cap)
           .select("shingle"))
    blocked = sh.join(hot, "shingle", "left_anti")
    # r13 MEASURED AND REVERTED (negative result): replacing this
    # self-join with the MinHash-style groupBy(shingle) +
    # sort_array(collect_set) posting-list explode looked like it
    # should remove a pass — but the two join branches already share
    # ONE exchange via ReusedExchange, while collect_set plans as a
    # codegen-disabled ObjectHashAggregate. Isolated per-process
    # min-of-4 at sf0.1: self-join 1.82/1.89 s vs posting-list
    # 2.71/2.42 s (bench-context reads were parity). The join form
    # stays; it is also the scale-safer shape (no in-row list ever
    # materializes, even capped).
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs sharing ≥1 word 5-gram with exact Jaccard ≥
    threshold — the shared-shingle join is the blocking step, with a
    hot-shingle document-frequency cap (SHINGLE_DF_CAP) bounding the
    join fan-out under shingle-frequency skew."""
    cat = Catalog(spark, sf_dir)
    return ngram_jaccard_pairs(cat.documents)


#: The oracle mirrors the query EXACTLY, including SHINGLE_DF_CAP:
#: candidates come only from below-cap shingles (a pair whose only
#: shared shingles are hot is dropped by BOTH engines), while the
#: verify step counts ALL shared shingles — so query and oracle stay
#: semantically identical on any corpus, not just ones where the cap
#: is inert (ADVICE r2: a boilerplate-heavy corpus would otherwise
#: silently break the driver comparison).
DEDUP_NGRAM_JACCARD_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
sh AS (
    SELECT doc_id, list_distinct(list_transform(
               range(1, len(tokens) - {SHINGLE_K} + 2),
               i -> array_to_string(tokens[i : i + {SHINGLE_K} - 1], ' ')
           )) AS shingles
    FROM toks
    WHERE len(tokens) >= {SHINGLE_K}
),
exploded AS (
    SELECT doc_id, len(shingles) AS n_shingles, UNNEST(shingles) AS shingle
    FROM sh
),
hot AS (
    SELECT shingle FROM exploded
    GROUP BY 1 HAVING COUNT(*) > {SHINGLE_DF_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM exploded a JOIN exploded b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    WHERE a.shingle NOT IN (SELECT shingle FROM hot)
),
pairs AS (
    SELECT c.doc_a, c.doc_b,
           a.n_shingles AS n_a, b.n_shingles AS n_b,
           COUNT(*) AS shared
    FROM cand c
    JOIN exploded a ON a.doc_id = c.doc_a
    JOIN exploded b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS n_shared_shingles,
       {sql_fround('shared / CAST(n_a + n_b - shared AS DOUBLE)', 6)} AS jaccard
FROM pairs
WHERE {sql_fround('shared / CAST(n_a + n_b - shared AS DOUBLE)', 6)}
      >= {JACCARD_THRESHOLD}
"""


def minhash_signatures_from(sh: DataFrame) -> DataFrame:
    """Signatures from a prepared (doc_id, shingles, n_shingles) frame.

    minhash_j(doc) = min over shingles of xxhash64(shingle, j) — the
    salt argument varies the hash family. One nested higher-order
    expression produces the whole signature array: per-row JVM work,
    no shuffle, no UDF, and a plan tree of constant size.

    The `transform(array(shingles), sh -> ...)[0]` wrapper is load-
    bearing: Catalyst's projection collapse inlines the (expensive)
    shingle-construction expression into this projection, and without
    the wrapper the inner lambda would RE-EVALUATE it once per hash
    seed — 32x the shingling cost (measured: ~20ms/doc vs ~0.6ms).
    Binding it to a lambda variable forces single evaluation.
    """
    return sh.select(
        "doc_id", "n_shingles",
        F.expr(
            "transform(array(shingles), sh_once -> "
            f"transform(sequence(0, {NUM_HASHES - 1}), "
            "j -> array_min(transform(sh_once, s -> xxhash64(s, j)))))[0]"
        ).alias("signature"),
    )


def band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows from a signature frame: 8 bands x
    4 rows, bucket id = xxhash64 of the band's signature lanes. The
    bind-once wrapper (transform over a one-element array) keeps the
    signature expression — which embeds the shingle construction —
    from being re-evaluated once per band by projection collapse.
    Shared by the one-shot LSH pipeline and the ingest-time
    maintainer (streaming/neardup_ingest.py), so the two can never
    disagree on blocking."""
    _r = ROWS_PER_BAND
    return sigs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(array(signature), sig -> "
            f"transform(sequence(0, {BANDS - 1}), b -> named_struct("
            f"'band', cast(b as int), "
            f"'bucket', xxhash64(sig[b * {_r}], sig[b * {_r} + 1], "
            f"sig[b * {_r} + 2], sig[b * {_r} + 3]))))[0]"
        )).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def bucket_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a < doc_b) pairs of every (band, bucket) of a (doc_id,
    band, bucket) frame, generated in-bucket as a triangular slice of
    the sorted member list. Buckets over MAX_BUCKET members generate
    none. A pair sharing several buckets repeats: callers distinct.
    Shared by the one-shot LSH pipeline and the ingest-time
    maintainer's intra-batch candidates."""
    return (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= MAX_BUCKET))
        .select(F.explode(F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds) - i - 1), "
            "y -> struct(x AS doc_a, y AS doc_b))))"
        )).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )


def _minhash_verified_pairs(spark: SparkSession, sf_dir: str):
    """Shared MinHash+LSH pipeline: returns (verified pairs with
    exact jaccard, signature frame). dedup_minhash_lsh returns the
    pairs; minhash_accuracy_floor additionally joins the signatures
    to score the estimator against the exact values. One shingling
    pass, one signature computation, both consumers.

    Pipeline: signature (32 hashes) → 8 bands × 4 rows → bucket id =
    hash(band values) → groupBy (band, bucket) collecting in-bucket
    doc lists → generate in-bucket pairs → distinct → exact Jaccard
    verify ≥ threshold.

    groupBy-and-pair-generate instead of a bands self-join: the
    self-join evaluated the shingle→signature subtree once per join
    branch (needing an eager persist to avoid), while a groupBy
    consumes it exactly once and shuffles only (band, bucket, doc_id)
    longs. Bucket population is bounded by band collisions; a 100 TB
    deployment caps per-bucket list size (hot-bucket guard) the same
    way hot shingles are capped in dedup_ngram_jaccard.
    """
    cat = Catalog(spark, sf_dir)
    # persist the pre-hashed shingles (same rationale as
    # ngram_jaccard_pairs: one shingling pass, every downstream branch
    # reuses ~16 B/shingle). The minhash family then becomes
    # xxhash64(h, j) over the pre-hash — still an independent uniform
    # hash per seed j, and hashing a fixed-width long is cheaper than
    # re-hashing each string 32×. Tracked persist — see cache.py.
    from ..cache import pin
    sh_all = pin(hashed_shingles(cat.documents))
    sigs = minhash_signatures_from(sh_all)
    candidates = bucket_pairs(band_buckets(sigs)).distinct()

    # exact-Jaccard verification of candidates only (shared helper —
    # broadcast candidate set, shingle arrays never shuffle)
    pairs = _verify_jaccard(sh_all, candidates).select(
        "doc_a", "doc_b", "jaccard")
    return pairs, sigs


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified with exact Jaccard
    (pipeline and scale notes: _minhash_verified_pairs).

    No SQL oracle: xxhash64 is Spark-specific; correctness is pinned
    by unit tests (known near-dup pairs + agreement with the exact
    dedup_ngram_jaccard query, which shares the threshold).
    """
    pairs, _ = _minhash_verified_pairs(spark, sf_dir)
    return pairs


#: accuracy-gate thresholds for the driver-visible estimator check.
#: Measured on the verified-pair population: MAE 0.018-0.025 and max
#: abs error 0.06-0.15 across sf0.001/0.01/0.1 — the gates (0.05 /
#: 0.25) leave ≥ 2× margin at every scale, while the analytic std
#: error of a 32-hash estimator at J≈0.5 is sqrt(J(1-J)/32) ≈ 0.088.
MINHASH_MAE_GATE_PCT = 5
MINHASH_MAX_AE_GATE_PCT = 25


def _minhash_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified pairs + signature-estimated Jaccard + quantized abs
    error — the scoring frame minhash_accuracy_floor gates on and
    lsh_threshold_sweep curves over (one shared construction)."""
    pairs, sigs = _minhash_verified_pairs(spark, sf_dir)
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("signature").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    F.col("signature").alias("sig_b"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn("est", F.expr(
            "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
            "v -> v)) / size(sig_a)"))
        # abs error quantized to 1e6 ints: exact sums/compares
        .withColumn("ae_q", F.floor(
            F.abs(F.col("est") - F.col("jaccard")) * 1e6 + F.lit(0.5))
            .cast("long"))
    )


def minhash_accuracy_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible MinHash estimator-quality gate (the sketch
    analog of ann_recall_floor): ONE row asserting that over the
    exact-verified near-dup pairs, the signature-estimated Jaccard
    (fraction of agreeing minhash lanes) tracks the exact n-gram
    Jaccard — mean abs error ≤ 5% and max abs error ≤ 25%. The
    pipeline is deterministic given the data (xxhash64 seeds fixed),
    so at any tested scale the row equals the pinned-constant oracle;
    an estimator regression (seed drift, band math bug, shingle
    change) flips a boolean and hash-mismatches.

    Scale: reuses the one-pass signature pipeline; the scoring join
    touches only the verified-pair rows (bounded by LSH collisions).
    Integer-exact compares: errors scale to 1e6 ints before the
    mean/max gates."""
    scored = _minhash_scored_pairs(spark, sf_dir)
    return (
        scored.agg(F.count("*").alias("n"),
                   F.sum("ae_q").alias("sum_ae"),
                   F.max("ae_q").alias("max_ae"))
        .select(
            F.lit(NUM_HASHES).cast("long").alias("n_hashes"),
            (F.col("n") > 0).alias("has_pairs"),
            (F.col("sum_ae") * 100 <= F.col("n") * 1_000_000
             * MINHASH_MAE_GATE_PCT).alias("mae_le_gate"),
            (F.col("max_ae") * 100 <= F.lit(1_000_000)
             * MINHASH_MAX_AE_GATE_PCT).alias("max_ae_le_gate"),
        )
    )


MINHASH_ACCURACY_SQL = """
SELECT CAST(32 AS BIGINT) AS n_hashes,
       TRUE AS has_pairs,
       TRUE AS mae_le_gate,
       TRUE AS max_ae_le_gate
"""


#: max hamming distance (of 64 bits) for a verified simhash near-dup
SIMHASH_HAMMING_MAX = 6


def simhash_signatures(df: DataFrame) -> DataFrame:
    """doc_id → 4 × 16-bit simhash band keys: signature bit i = sign
    of sum over tokens of (bit i of xxhash64(token) ? +1 : -1).

    Token hashing stays JVM-side (xxhash64); the 64-lane bit-vote is
    the one kernel where built-in expressions genuinely lose — the
    nested-lambda form costs 64 × n_tokens interpreted steps per doc
    (~10x this implementation) — so it runs as an Arrow-vectorized
    pandas UDF over the hash arrays (numpy bit matrix, one pass).
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _bands(hs: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)

        def one(arr):
            h = np.array(arr, dtype=np.int64).astype(np.uint64)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = 2 * bits.sum(axis=0) - len(h)
            sig = votes > 0
            return [int(sum(1 << j for j in range(16) if sig[b * 16 + j]))
                    for b in range(4)]

        return hs.map(one)

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, "doc_id")
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .filter(F.size(F.col("tokens")) >= 1)
        .select("doc_id",
                F.expr("transform(tokens, t -> xxhash64(t))").alias("hs"))
        .select("doc_id", _bands(F.col("hs")).alias("bands"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidates verified by full
    64-bit hamming distance ≤ SIMHASH_HAMMING_MAX.

    Candidates share at least one of four 16-bit signature bands
    (guarantees recall for hamming ≤ 3 by pigeonhole; wider distances
    are best-effort). Candidate generation is the same
    groupBy-(band,key)-and-pair pattern as MinHash; verification
    joins the tiny (doc → 4 ints) signature table back and popcounts
    the XOR. No SQL oracle (xxhash64); pinned by unit tests.
    """
    cat = Catalog(spark, sf_dir)
    sigs = simhash_signatures(cat.documents)

    # carry the full signature through the bucket pair-generation so
    # hamming verification is inline — the signature subtree runs
    # exactly once (a verify-by-rejoin would recompute it per branch)
    bands = sigs.select(
        "doc_id", "bands",
        F.posexplode("bands").alias("band", "band_key"),
    )
    pairs = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(
            F.collect_list(F.struct("doc_id", "bands"))).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= MAX_BUCKET))
        .select(F.explode(F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds) - i - 1), y -> "
            "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
            "aggregate(zip_with(x.bands, y.bands, "
            "(p, q) -> bit_count(p ^ q)), 0, (acc, v) -> acc + v) "
            "AS hamming))))"
        )).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.coalesce(F.col("hamming") <= SIMHASH_HAMMING_MAX,
                           F.lit(False)))
        .distinct()
    )
    return pairs


#: leading-token window for boilerplate-prefix grouping
PREFIX_TOKENS = 12


def prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix duplicate groups (round 4): documents that
    share their first PREFIX_TOKENS tokens — the template/boilerplate
    duplication shape (shared headers, scraped navigation, license
    preambles) that full-text exact dedup misses when tails differ
    and near-dup scoring over-matches on. Per group: size and the
    min/max doc_id (keeper + newest member).

    Scale: the prefix is md5-digested SCAN-SIDE, so the shuffle
    carries 32-byte keys regardless of document width (same policy as
    dup_ngram_spans); one groupBy, map-side combinable."""
    cat = Catalog(spark, sf_dir)
    pre = cat.documents.select(
        "doc_id",
        F.md5(F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"),
                    1, PREFIX_TOKENS), " ")).alias("prefix_hash"))
    return (
        pre.groupBy("prefix_hash")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.min("doc_id").cast("long").alias("keeper_doc"),
             F.max("doc_id").cast("long").alias("last_doc"))
        .filter(F.col("n_docs") > 1)
    )


PREFIX_DUP_SQL = f"""
WITH p AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(
               string_split_regex(trim(text), '\\s+'),
               1, {PREFIX_TOKENS}), ' ')) AS prefix_hash
    FROM documents
)
SELECT prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM p GROUP BY prefix_hash HAVING COUNT(*) > 1
"""


register("dedup_exact", dedup_exact, DEDUP_EXACT_SQL)
register("prefix_dup_groups", prefix_dup_groups, PREFIX_DUP_SQL)
register("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL)
register("dedup_minhash_lsh", dedup_minhash_lsh, None)
register("minhash_accuracy_floor", minhash_accuracy_floor,
         MINHASH_ACCURACY_SQL)
register("dedup_simhash", dedup_simhash, None)


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage matrix: the verified near-dup
    pairs (exact-Jaccard ngram dedup) attributed to their source
    pair — per unordered (source_a, source_b), how many near-dup
    pairs exist and their mean similarity. Off-diagonal mass is the
    contamination signal corpus audits look for: two "independent"
    sources shipping the same text means dedup must run globally, not
    per-source, and source-level mixture weights double-count.

    Scale: the pair set is already bounded by the capped blocking
    join; the source attach is two joins against the (doc_id, source)
    projection (broadcast-able at dim scale, hash at fact scale);
    the output aggregate is ≤ sources² rows. Mean similarity sums
    6dp-quantized jaccards as exact integers."""
    cat = Catalog(spark, sf_dir)
    pairs = ngram_jaccard_pairs(cat.documents)
    d = cat.documents.select("doc_id", "source")
    attributed = (
        pairs
        .join(d.select(F.col("doc_id").alias("doc_a"),
                       F.col("source").alias("sa")), "doc_a")
        .join(d.select(F.col("doc_id").alias("doc_b"),
                       F.col("source").alias("sb")), "doc_b")
        .select(F.least("sa", "sb").alias("source_a"),
                F.greatest("sa", "sb").alias("source_b"),
                "jaccard")
    )
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"),
             F.sum(F.floor(F.col("jaccard") * 1e6 + F.lit(0.5))
                   .cast("long")).alias("_jq"))
        .select("source_a", "source_b", "n_pairs",
                fround(F.col("_jq") / (F.col("n_pairs") * F.lit(1e6)), 6)
                .alias("mean_jaccard"),
                (F.col("source_a") != F.col("source_b"))
                .alias("cross_source"))
        .orderBy("source_a", "source_b")
    )


CROSS_SOURCE_LEAKAGE_SQL = f"""
WITH pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
docs AS (SELECT doc_id, source FROM documents),
attributed AS (
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           p.jaccard
    FROM pairs p
    JOIN docs da ON p.doc_a = da.doc_id
    JOIN docs db ON p.doc_b = db.doc_id
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_fround('SUM(CAST(FLOOR(jaccard * 1000000.0 + 0.5) AS BIGINT))'
                   ' / (COUNT(*) * 1000000.0)', 6)} AS mean_jaccard,
       source_a <> source_b AS cross_source
FROM attributed
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""

register("cross_source_leakage", cross_source_leakage,
         CROSS_SOURCE_LEAKAGE_SQL)


#: thresholds the calibration sweep evaluates (the verified-pair
#: population exists only at exact jaccard ≥ JACCARD_THRESHOLD, so
#: the curve starts there)
SWEEP_THRESHOLDS = (0.4, 0.5, 0.6, 0.7, 0.8)


def lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the MinHash estimator — the
    table an index tuner reads before picking a dedup cutoff: for
    each candidate threshold t, how many verified pairs the EXACT
    Jaccard admits, how many the 32-lane ESTIMATE admits, their
    overlap, and precision/recall of estimate-vs-exact at t. The
    accuracy floor gates a scalar (MAE); this shows WHERE on the
    curve the estimator over/under-admits, which decides t and the
    band/row configuration together.

    Scale: one tiny aggregation per threshold over the shared scored
    frame (bounded by LSH collisions) — the pipeline runs once, the
    5-threshold fan-out is a constant factor on a pairs-sized frame.
    Rows-only (xxhash64 signatures are Spark-specific); unit tests
    pin monotonicity and the exact-column counts against a Python
    recount.
    """
    from ..cache import pin
    # the 5 per-threshold aggregations would each re-run the whole
    # LSH bucket/verify/score pipeline downstream of the pinned
    # shingle frame — pin the (pairs-sized) scored frame so the
    # pipeline executes once and the fan-out reads cached rows
    scored = pin(_minhash_scored_pairs(spark, sf_dir))
    outs = []
    for t in SWEEP_THRESHOLDS:
        q = int(t * 1e6)
        # integer-quantized threshold compares (est/jaccard are
        # 6-dp-rounded already)
        jq = F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("long")
        eq = F.floor(F.col("est") * 1e6 + F.lit(0.5)).cast("long")
        # COALESCE to 0: a corpus with zero verified pairs is
        # reachable (no doc shares a band bucket), and "how many
        # pairs admitted" is then 0, not NULL — the round-9
        # SUM-over-empty discipline
        outs.append(scored.agg(
            F.lit(t).alias("threshold"),
            F.coalesce(F.sum((jq >= q).cast("long")), F.lit(0))
            .cast("long").alias("n_exact"),
            F.coalesce(F.sum((eq >= q).cast("long")), F.lit(0))
            .cast("long").alias("n_est"),
            F.coalesce(F.sum(((jq >= q) & (eq >= q)).cast("long")),
                       F.lit(0)).cast("long").alias("n_both")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return (out.select(
        "threshold", "n_exact", "n_est", "n_both",
        fround(F.col("n_both")
               / F.greatest(F.col("n_est"), F.lit(1)), 6)
        .alias("precision"),
        fround(F.col("n_both")
               / F.greatest(F.col("n_exact"), F.lit(1)), 6)
        .alias("recall"))
        .orderBy("threshold"))


register("lsh_threshold_sweep", lsh_threshold_sweep, None)
