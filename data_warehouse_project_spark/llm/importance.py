"""DSIR-style importance weighting — score every document by the
log-likelihood ratio of a target unigram LM vs the raw-corpus unigram
LM (public recipe: Data Selection for Language Models via Importance
Resampling, Xie et al. 2023 — select pretraining data whose n-gram
feature distribution matches a small high-quality target set). The
driver corpus has no quality-tiered subset, so the registered query
targets the 'en'-labeled slice — the estimator is exercised end to
end and production swaps in the real target table.

Feature note: the paper hashes n-grams into a fixed-width bucket
space to bound the feature dimension; here features are raw unigrams
so the DuckDB oracle is exact (engine hash functions differ
cross-engine — xxhash64 vs DuckDB's hash — so a hashed-feature twin
cannot oracle-match). At 100 TB the unigram vocabulary is still
Zipf-bounded (tens of millions of types), far under the corpus size;
a hashed-feature variant would bound it harder at the cost of
rows-only evidence, the vocab_top_terms_sketch trade-off.

Cross-engine determinism: each word's log-ratio term is quantized to
a 6-decimal integer ONCE at vocabulary level, weighted by the exact
per-doc occurrence count, and summed as integers (order-independent,
compat.py hazard #1); log2 carries the documented residual
transcendental ulp risk (functions/compat.py policy note).

Scale design: two vocabulary-keyed count aggregations (target and
raw LMs, both map-side combined), one (doc_id, word) aggregation,
one vocabulary-keyed join back to doc words; the three corpus
scalars (token totals, vocab size) attach as a broadcast one-row
frame. Nothing downstream of the counts touches the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: add-k smoothing mass per word (keeps zero-count target words finite)
DSIR_SMOOTH_K = 0.5

#: the registered query's target slice: 'en'-labeled documents
DSIR_TARGET_LANG = "en"


def dsir_scores(docs: DataFrame, is_target: Column) -> DataFrame:
    """Per-document average log2 importance ratio (bits/token) of
    P_target vs P_raw add-k unigram LMs. ``docs`` needs (doc_id,
    text); ``is_target`` marks the target slice. Docs whose every
    word is corpus-unseen cannot occur (the corpus defines the
    vocabulary), so every doc scores."""
    words = (
        docs.select("doc_id", is_target.alias("is_target"),
                    F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("w"))
    )
    doc_words = (words.groupBy("doc_id", "w")
                 .agg(F.count("*").alias("m")))
    from ..cache import pin
    # pin the vocab-sized LM count frame: lam AND totals both consume
    # it — unpinned, each branch re-explodes the corpus (review
    # finding: 3 parquet scans of documents in the executed plan)
    raw = pin(words.groupBy("w")
              .agg(F.count("*").alias("c_raw"),
                   F.sum(F.col("is_target").cast("long")).alias("c_tgt")))
    totals = raw.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v"))
    k = F.lit(DSIR_SMOOTH_K)
    lam = (
        raw.join(totals)
        .withColumn(
            "p_tgt", (F.col("c_tgt") + k) / (F.col("n_tgt") + k * F.col("v")))
        .withColumn(
            "p_raw", (F.col("c_raw") + k) / (F.col("n_raw") + k * F.col("v")))
        .withColumn(
            "term",
            F.floor((F.log2("p_tgt") - F.log2("p_raw")) * F.lit(1e6)
                    + F.lit(0.5)).cast("long"))
        .select("w", "term")
    )
    scored = (
        doc_words.join(lam, "w")
        .groupBy("doc_id")
        .agg(F.sum("m").cast("long").alias("n_tokens"),
             F.sum(F.col("m") * F.col("term")).alias("tsum"))
    )
    return scored.select(
        "doc_id", "n_tokens",
        fround(F.col("tsum")
               / (F.col("n_tokens").cast("double") * F.lit(1e6)), 6)
        .alias("dsir_bits"),
    ).withColumn("selected", F.col("dsir_bits") > F.lit(0.0))


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: DSIR importance score of every document
    against the 'en'-labeled target slice, with the would-select flag
    (score > 0 ⟺ the doc looks more target-like than corpus-average
    under the unigram features)."""
    cat = Catalog(spark, sf_dir)
    return (
        dsir_scores(cat.documents,
                    F.col("lang") == F.lit(DSIR_TARGET_LANG))
        .orderBy("doc_id")
    )


DSIR_SQL = f"""
WITH words AS (
    SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_target,
           UNNEST(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
),
doc_words AS (
    SELECT doc_id, w, COUNT(*) AS m FROM words GROUP BY 1, 2
),
raw AS (
    SELECT w, COUNT(*) AS c_raw,
           SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
    FROM words GROUP BY 1
),
totals AS (
    SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt, COUNT(*) AS v
    FROM raw
),
lam AS (
    SELECT w,
           CAST(FLOOR((log2((c_tgt + {DSIR_SMOOTH_K})
                            / (n_tgt + {DSIR_SMOOTH_K} * v))
                       - log2((c_raw + {DSIR_SMOOTH_K})
                              / (n_raw + {DSIR_SMOOTH_K} * v))) * 1000000.0
                      + 0.5) AS BIGINT) AS term
    FROM raw CROSS JOIN totals
),
scored AS (
    SELECT dw.doc_id,
           CAST(SUM(dw.m) AS BIGINT) AS n_tokens,
           CAST(SUM(dw.m * lam.term) AS BIGINT) AS tsum
    FROM doc_words dw JOIN lam ON dw.w = lam.w
    GROUP BY 1
)
SELECT doc_id, n_tokens,
       {sql_fround('tsum / (CAST(n_tokens AS DOUBLE) * 1000000.0)', 6)}
           AS dsir_bits,
       {sql_fround('tsum / (CAST(n_tokens AS DOUBLE) * 1000000.0)', 6)} > 0.0
           AS selected
FROM scored
ORDER BY doc_id
"""

register("dsir_importance_weights", dsir_importance_weights, DSIR_SQL)
