"""Duplicated-span analysis over `documents` — the exact-substring
dedup signal (public "deduplicating training data" methodology: long
token spans that recur verbatim anywhere in the corpus mark boilerplate
/ copied passages; pipelines either cut the spans or drop high-overlap
documents). The reference has no analog — this extends SURVEY.md §2's
LLM-pipeline family alongside llm/dedup.py's document-level passes.

Operator: every SPAN_N-token window of every document is a span; a
span occurring ≥ 2 times corpus-wide (in another document OR repeated
within its own) is *duplicated*; each document reports its span count,
duplicated-span count, and duplicated fraction — the per-doc signal a
filter stage thresholds on.

Scale design (the 100 TB path): spans are generated scan-side with
`transform(sequence(...))` (no Python), aggregated per (doc, span)
with map-side combine, then per span. The corpus shuffles fixed-width
(span-digest, count) pairs — spans are digested scan-side with md5
BEFORE the shuffle so the wide n-token strings never leave the scan
stage (same shape as llm/dedup.py's hashed-shingle pipeline; md5
rather than xxhash64 because the DuckDB oracle must compute the
IDENTICAL digest, and md5 is the one digest both engines share —
cross-engine agreement already proven by dedup_exact's driver row).
Hot spans (ubiquitous boilerplate) are just large counter cells —
aggregation state, not join fan-out, so skew cannot blow up the plan.
Cost is linear in corpus token count with ONE pass over the corpus and
three narrow shuffles ((doc, span-digest) combine, span-digest window,
doc_id rollup) — see span_stats for why the window formulation beats
the totals-table self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: span width in whitespace tokens. Public exact-substring dedup uses
#: ~50 BPE tokens; the synthetic corpus's docs are 10-99 words from a
#: tiny vocabulary, so 8 keeps both duplicated and unique spans
#: present at every sf.
SPAN_N = 8


def span_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, n_spans, n_dup_spans, dup_fraction);
    documents shorter than ``SPAN_N`` tokens have no spans and no row."""
    grams = (
        docs
        .withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .filter(F.size("toks") >= SPAN_N)
        .select(
            "doc_id",
            F.explode(F.expr(
                f"transform(sequence(1, size(toks) - {SPAN_N} + 1), "
                f"i -> md5(array_join(slice(toks, i, {SPAN_N}), ' ')))"
            )).alias("span_h"),
        )
    )
    per = grams.groupBy("doc_id", "span_h").agg(F.count("*").alias("c"))
    # corpus-wide span totals as a WINDOW SUM over the partial
    # aggregate, not a self-join against a totals table: the naive
    # `per ⋈ (per groupBy span_h)` plan scans + explodes the corpus
    # TWICE (no exchange reuse across the two subtrees) and, worse,
    # materializes a totals table as wide as the distinct-span space —
    # broadcast-joined at test scale, a full extra shuffle at 100 TB.
    # The unordered window needs one exchange on span_h and keeps a
    # single lineage: scan → (doc,span) agg → window → (doc) agg.
    total_w = Window.partitionBy("span_h")
    return (
        per.withColumn("total", F.sum("c").over(total_w))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("total") >= 2, F.col("c")).otherwise(0))
            .cast("long").alias("n_dup_spans"),
        )
        .select(
            "doc_id", "n_spans", "n_dup_spans",
            fround(F.col("n_dup_spans") / F.col("n_spans"), 6)
            .alias("dup_fraction"),
        )
    )


def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span statistics over the corpus."""
    cat = Catalog(spark, sf_dir)
    return span_stats(cat.documents.select("doc_id", "text"))


DUP_NGRAM_SPANS_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id,
           md5(array_to_string(
               list_slice(toks, i, i + {SPAN_N} - 1), ' ')) AS span_h
    FROM toks, UNNEST(range(1, len(toks) - {SPAN_N} + 2)) AS t(i)
    WHERE len(toks) >= {SPAN_N}
),
per AS (
    SELECT doc_id, span_h, COUNT(*) AS c FROM grams GROUP BY 1, 2
),
tot AS (
    SELECT span_h, SUM(c) AS total FROM per GROUP BY 1
)
SELECT p.doc_id,
       CAST(SUM(p.c) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN t.total >= 2 THEN p.c ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       {sql_fround('SUM(CASE WHEN t.total >= 2 THEN p.c ELSE 0 END)'
                   ' / CAST(SUM(p.c) AS DOUBLE)', 6)} AS dup_fraction
FROM per p JOIN tot t USING (span_h)
GROUP BY p.doc_id
"""

register("dup_ngram_spans", dup_ngram_spans, DUP_NGRAM_SPANS_SQL)
