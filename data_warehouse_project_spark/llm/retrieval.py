"""BM25 ranked retrieval over `documents` — the query-side companion
to the inverted index (llm/index.py): score a fixed keyword query
with Okapi BM25 (Robertson et al., public formula) and return the
top documents. tf-idf ranks terms per doc (llm/quality.py); BM25 is
the standard document-versus-query ranking a retrieval service
actually serves.

Scale design: the term explode filters to the query's terms BEFORE
aggregating, so the candidate frame is bounded by documents
containing ≥1 query term — everything downstream (df counts, the
doc-length join, scoring, top-k) is candidate-sized except the
doc-length side of the join, which stays a doc-keyed hash join a
real deployment would prune with the index's postings. Corpus
scalars (N, avgdl) attach as a broadcast one-row frame; top-k is a
TakeOrdered, never a global sort.

Determinism: each (doc, term) BM25 contribution is quantized to a
6-decimal integer before the per-doc SUM (order-independent,
compat.py hazard #1); ranking orders by the integer sum, then
doc_id, so cross-engine float noise cannot reorder. ln carries the
documented residual transcendental ulp risk (compat.py policy
note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog
from .similarity import KNN_BRUTE_SQL, knn_brute_cosine

#: the registered query's keyword query (moderate-df corpus terms)
BM25_QUERY_TERMS = ["hash", "merge", "vector"]

#: Okapi BM25 shape parameters (the public defaults)
BM25_K1 = 1.2
BM25_B = 0.75

#: report size
BM25_TOP_K = 15


def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K documents for the fixed keyword query under Okapi BM25:
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1),
    tf_norm = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))."""
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tokens"))
    doclen = toks.select(
        "doc_id", F.size("tokens").cast("long").alias("dl"))
    cand = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfs = cand.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scalars = doclen.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"))
    nd = F.col("n_docs").cast("double")
    idf = F.log((nd - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    tf_d = F.col("tf").cast("double")
    tf_norm = (tf_d * F.lit(BM25_K1 + 1.0)
               / (tf_d + F.lit(BM25_K1)
                  * (F.lit(1.0 - BM25_B)
                     + F.lit(BM25_B) * F.col("dl").cast("double")
                     / F.col("avgdl"))))
    scored = (
        cand.join(doclen, "doc_id")
        .join(dfs, "term")
        .join(scalars)
        .withColumn("qterm",
                    F.floor(idf * tf_norm * F.lit(1e6) + F.lit(0.5))
                    .cast("long"))
        .groupBy("doc_id")
        .agg(F.sum("qterm").alias("qsum"),
             F.count("*").cast("long").alias("n_terms_matched"))
    )
    return (
        scored
        .orderBy(F.col("qsum").desc(), "doc_id")
        .limit(BM25_TOP_K)
        .select("doc_id", "n_terms_matched",
                fround(F.col("qsum") / F.lit(1e6), 6).alias("bm25_score"))
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

BM25_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
doclen AS (
    SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM toks
),
cand AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, UNNEST(tokens) AS term FROM toks)
    WHERE term IN ({_TERMS_SQL})
    GROUP BY 1, 2
),
dfs AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM cand GROUP BY 1
),
scalars AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM doclen
),
scored AS (
    SELECT c.doc_id,
           CAST(SUM(CAST(FLOOR(
               LN((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}
                  / (CAST(tf AS DOUBLE) + {BM25_K1}
                     * ({1.0 - BM25_B} + {BM25_B} * CAST(dl AS DOUBLE)
                        / avgdl)))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched
    FROM cand c
    JOIN doclen USING (doc_id)
    JOIN dfs USING (term)
    CROSS JOIN scalars
    GROUP BY 1
)
SELECT doc_id, n_terms_matched,
       {sql_fround('qsum / 1000000.0', 6)} AS bm25_score
FROM scored
ORDER BY qsum DESC, doc_id
LIMIT {BM25_TOP_K}
"""

register("bm25_top_docs", bm25_top_docs, BM25_SQL)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# dense (cosine kNN) rankers — the standard two-tower retrieval serving
# pattern (Cormack et al.'s RRF, the public formula used by every
# hybrid-search engine). The reference has no retrieval surface at all;
# this is the §2.11 training-data/RAG mandate.
# ---------------------------------------------------------------------------

#: RRF smoothing constant (the public default from the RRF paper)
RRF_K = 60
RRF_TOP_K = 10


def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse the BM25 top-15 (lexical, `documents`) with the cosine
    top-10 of the fixed query vector (dense, `embeddings`, vec_id as
    doc_id) via Reciprocal Rank Fusion:

        rrf(d) = Σ_ranker 1 / (RRF_K + rank_ranker(d))

    Scale design: both inputs arrive ALREADY top-k-capped by their own
    scale-correct plans (BM25's candidate-bounded scoring, kNN's
    broadcast+TakeOrdered), so the fusion itself — rank windows, a
    full-outer join, one arithmetic column — touches ≤ k+k rows no
    matter the corpus size. That is the production shape: rankers
    prune, fusion is O(k).

    Determinism: ranks are integers; 1/(K+rank) is a single IEEE
    division and the two-term sum a single addition — both exactly
    rounded, so the fused score is bit-identical across engines (no
    libm involvement; compat.py hazard classes don't apply).
    """
    from pyspark.sql.window import Window

    bm = bm25_top_docs(spark, sf_dir).select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("bm25_score").desc(), F.col("doc_id"))
        ).cast("long").alias("bm25_rank"))
    kn = knn_brute_cosine(spark, sf_dir).select(
        F.col("vec_id"),
        F.row_number().over(
            Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        ).cast("long").alias("cos_rank"))
    inv = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(r).cast("double")),
        F.lit(0.0))
    fused = (
        bm.join(kn, bm["doc_id"] == kn["vec_id"], "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            "bm25_rank", "cos_rank",
            (inv("bm25_rank") + inv("cos_rank")).alias("score"))
    )
    return (
        fused.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(RRF_TOP_K)
        .select("doc_id", "bm25_rank", "cos_rank",
                fround(F.col("score"), 6).alias("rrf_score"))
    )


HYBRID_RRF_SQL = f"""
WITH bm AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id)
                AS BIGINT) AS bm25_rank
    FROM ({BM25_SQL}) bm_top
),
kn AS (
    SELECT vec_id,
           CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id)
                AS BIGINT) AS cos_rank
    FROM ({KNN_BRUTE_SQL}) kn_top
),
fused AS (
    SELECT COALESCE(bm.doc_id, kn.vec_id) AS doc_id,
           bm.bm25_rank, kn.cos_rank,
           COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + bm.bm25_rank),
                    CAST(0.0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + kn.cos_rank),
                      CAST(0.0 AS DOUBLE)) AS score
    FROM bm FULL OUTER JOIN kn ON bm.doc_id = kn.vec_id
)
SELECT doc_id, bm25_rank, cos_rank,
       {sql_fround('score', 6)} AS rrf_score
FROM fused
ORDER BY score DESC, doc_id
LIMIT {RRF_TOP_K}
"""

register("hybrid_retrieval_rrf", hybrid_retrieval_rrf, HYBRID_RRF_SQL)
