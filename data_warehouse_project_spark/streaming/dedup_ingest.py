"""Incremental dedup-on-ingest — the streaming twin of the batch
`dedup_exact` operator (llm/dedup.py): documents arrive in
micro-batches and each batch is classified new-vs-duplicate against
the accumulated fingerprint state, so a training-data pipeline can
reject duplicates AT INGEST instead of re-scanning the corpus after
every drop.

State design (the state_fold.py template shared by the other five
maintainers): one parquet table
  (fingerprint, first_doc_id, n_seen)
keyed by the same normalized-text md5 the batch operator uses —
exact dedup's state IS the distinct-fingerprint set, and the fold is
associative (min of mins, sum of counts), so folding batches is
EXACTLY a single-pass build (identity unit-pinned, the
sketch_fold_identity discipline). The batch-id sentinel makes
at-least-once foreachBatch replays no-ops.

Scale: per batch, one map-side-combined groupBy on the 16-byte
digest (shuffle = the batch's distinct digests, never text — the
multimodal_blob_dedup discipline: fingerprints are computed
scan-side and only digests move), then one fingerprint-keyed merge
with prior state. State size is O(distinct docs × ~40 B) — the
honest lower bound for EXACT dedup (the approximate alternative at
extreme scale is a Bloom/KMV state, llm/sketches.py; this module is
the exact path).

Driver surface: the registered query replays history as a
THREE-batch doc_id-ordered arrival (NTILE over doc_id — the
simulation harness only; production order comes from the stream),
folds the state forward, and reports per-batch arrival stats
computed FROM the folded state (a broken merge shifts first_doc_id
and the report hash-mismatches): n_new_docs = batch docs that are
their fingerprint's first occurrence, n_dup_docs = the rest. The
oracle is the equivalent window-function SQL in DuckDB — fully
value-checked, not rows-only.

Relationship to jobs.document_ingest_dedup: that is the
PASS-THROUGH form (Structured Streaming dropDuplicates, state in the
checkpoint — emits each first occurrence downstream); this module is
the QUERYABLE-STATE form: the fingerprint table is inspectable
(first_doc_id, n_seen), emits per-batch arrival statistics, and
carries a full DuckDB oracle. A pipeline uses the former inline in
an ingest job and the latter where dedup state must be audited.

Reference parity: the reference app's per-call INSERT ... SELECT
WHERE NOT EXISTS idiom (db.py registration paths) is this exact
semantics — admit only unseen keys — done here as one set-oriented
fold per batch instead of a round-trip per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog
from .state_fold import (N_INGEST_BATCHES, ingest_batches, ntile_batched,
                         replay)


def fingerprinted(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): the batch operator's normalization
    (lowercase, whitespace-collapsed md5 — dedup_exact's key), so
    ingest-time and batch dedup can never disagree on identity."""
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
        .alias("fingerprint"))


def dedup_state(batch: DataFrame) -> DataFrame:
    """Build state from one batch: first occurrence + copy count per
    distinct fingerprint."""
    return (fingerprinted(batch)
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("first_doc_id"),
                 F.count("*").cast("long").alias("n_seen")))


def merge_dedup_state(prev: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a batch into prior state — associative (min/sum), so the
    fold is bit-identical to a single-pass build over all history."""
    return (prev.select("fingerprint", "first_doc_id", "n_seen")
            .unionByName(dedup_state(batch))
            .groupBy("fingerprint")
            .agg(F.min("first_doc_id").alias("first_doc_id"),
                 F.sum("n_seen").cast("long").alias("n_seen")))


def docs_dedup_ingest_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Registry entry: replay the corpus as N_INGEST_BATCHES
    doc_id-ordered arrivals, fold the state forward batch by batch,
    and report per-batch arrival stats from the FOLDED state."""
    batched = ntile_batched(Catalog(spark, sf_dir).documents)
    # lazy: each state is read once, by the next fold or the report join
    state = replay(ingest_batches(batched), dedup_state, merge_dedup_state,
                   checkpoint="lazy").localCheckpoint(eager=False)
    arrivals = fingerprinted(batched).join(
        batched.select("doc_id", "batch_idx"), "doc_id")
    return (
        arrivals.join(state, "fingerprint")
        .groupBy("batch_idx")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum((F.col("doc_id") == F.col("first_doc_id")).cast("long"))
             .cast("long").alias("n_new_docs"))
        .select(F.col("batch_idx").cast("long").alias("batch_idx"),
                "n_docs", "n_new_docs",
                (F.col("n_docs") - F.col("n_new_docs")).cast("long")
                .alias("n_dup_docs"))
        .orderBy("batch_idx")
    )


DOCS_DEDUP_INGEST_SQL = f"""
WITH fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f,
           NTILE({N_INGEST_BATCHES}) OVER (ORDER BY doc_id) AS batch_idx
    FROM documents
),
firsts AS (SELECT f, MIN(doc_id) AS fd FROM fp GROUP BY 1)
SELECT CAST(batch_idx AS BIGINT) AS batch_idx,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_docs,
       CAST(COUNT(*) - SUM(CASE WHEN doc_id = fd THEN 1 ELSE 0 END)
           AS BIGINT) AS n_dup_docs
FROM fp JOIN firsts ON fp.f = firsts.f
GROUP BY batch_idx
ORDER BY batch_idx
"""

register("docs_dedup_ingest_incremental", docs_dedup_ingest_incremental,
         DOCS_DEDUP_INGEST_SQL)
